"""Bundle-core golden tests: the reference's conflict-resolution truth
table (FIXTURES.md §4 / reference tests/unit/test_bundle_processor.py:
280-374) plus cross-batch PUT→DELETE and empty-batch no-op."""

from __future__ import annotations

import pytest

from fhir_to_lakehouse_spark.operators.bundles import (
    latest_per_key,
    prepare_stream,
)
from fhir_to_lakehouse_spark.streaming.pipeline import BundlePipeline, PipelineConfig
from tests.conftest import jobs_in
from tests.fixtures import KAFKA_SCHEMA, delete_bundle, kafka_row, put_bundle


@pytest.fixture()
def pipeline(spark, tmp_path):
    cfg = PipelineConfig(
        warehouse_dir=str(tmp_path / "warehouse"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        upkeep_interval=50,
    )
    return BundlePipeline(spark, cfg)


def batch(spark, rows):
    return spark.createDataFrame([kafka_row(**r) for r in rows], KAFKA_SCHEMA)


def test_prepare_stream_extracts_routing_columns(spark):
    df = batch(
        spark,
        [{"value": put_bundle("Patient", "42", active=True), "offset": 0}],
    )
    row = prepare_stream(df).collect()[0]
    assert row["resource_type"] == "Patient"
    assert row["request_method"] == "PUT"
    assert row["request_resource_id"] == "42"
    assert row["request_url"] == "Patient/42"
    import json

    assert json.loads(row["resource"])["id"] == "42"


def test_latest_per_key_ordering_partition_asc_offset_desc(spark):
    # W1 tie-break: highest offset within the LOWEST partition wins
    # (reference src/bundle_processor.py:114-128)
    df = batch(
        spark,
        [
            {"value": put_bundle("Patient", "1", active=True), "partition": 1, "offset": 99},
            {"value": put_bundle("Patient", "1", active=False), "partition": 0, "offset": 5},
            {"value": put_bundle("Patient", "1", active=None), "partition": 0, "offset": 3},
        ],
    )
    out = latest_per_key(prepare_stream(df)).collect()
    assert len(out) == 1
    assert out[0]["partition"] == 0 and out[0]["offset"] == 5


def test_truth_table_put_delete_conflicts(spark, pipeline):
    """The reference's golden scenario: ids ['0','2'] survive, id=2 has
    the newer body (active=false)."""
    rows = [
        {"value": put_bundle("Patient", "0", active=True), "partition": 0, "offset": 0},
        {"value": put_bundle("Patient", "1", active=True), "partition": 1, "offset": 0},
        {"value": delete_bundle("Patient", "1"), "partition": 1, "offset": 1},
        {"value": put_bundle("Patient", "1", active=True), "partition": 1, "offset": 2},
        {"value": delete_bundle("Patient", "1"), "partition": 1, "offset": 3},
        {"value": put_bundle("Patient", "2", active=True), "partition": 0, "offset": 10},
        {"value": put_bundle("Patient", "2", active=False), "partition": 0, "offset": 99},
    ]
    pipeline.process_batch(batch(spark, rows), batch_id=1)
    tbl = pipeline.table("Patient").to_df()
    ids = sorted(r["id"] for r in tbl.select("id").collect())
    assert ids == ["0", "2"]
    assert tbl.where("id = '2' and active = false").count() == 1


def test_cross_batch_put_then_delete(spark, pipeline):
    pipeline.process_batch(
        batch(spark, [{"value": put_bundle("Patient", "9", active=True)}]), 1
    )
    assert pipeline.table("Patient").to_df().count() == 1
    pipeline.process_batch(
        batch(spark, [{"value": delete_bundle("Patient", "9"), "offset": 1}]), 2
    )
    assert pipeline.table("Patient").to_df().count() == 0


def test_newer_put_overwrites_across_batches(spark, pipeline):
    pipeline.process_batch(
        batch(spark, [{"value": put_bundle("Patient", "7", active=True)}]), 1
    )
    pipeline.process_batch(
        batch(spark, [{"value": put_bundle("Patient", "7", active=False), "offset": 1}]),
        2,
    )
    tbl = pipeline.table("Patient").to_df()
    assert tbl.count() == 1
    assert tbl.where("active = false").count() == 1


def test_empty_batch_noop(spark, pipeline):
    empty = spark.createDataFrame([], KAFKA_SCHEMA)
    pipeline.process_batch(empty, 0)  # must not raise nor create tables
    assert not pipeline.table("Patient").exists()


def test_multiple_resource_types_routed_to_own_tables(spark, pipeline):
    rows = [
        {"value": put_bundle("Patient", "1"), "offset": 0},
        {"value": put_bundle("Condition", "c1", subject={"reference": "Patient/1"}), "offset": 1},
        {"value": put_bundle("Observation", "o1", status="final"), "offset": 2},
    ]
    pipeline.process_batch(batch(spark, rows), 1)
    assert pipeline.table("Patient").to_df().count() == 1
    assert pipeline.table("Condition").to_df().count() == 1
    assert pipeline.table("Observation").to_df().count() == 1
    cond = pipeline.table("Condition").to_df().collect()[0]
    # stored tables keep the reference string VERBATIM (Pathling
    # storage parity, ADVICE r5); resolution is query-time
    assert cond["subject"]["reference"] == "Patient/1"
    from fhir_to_lakehouse_spark.operators.bundles import resolve_references

    resolved = resolve_references(
        pipeline.table("Condition").to_df(), "Condition"
    ).collect()[0]
    assert resolved["subject"]["reference"] == "1"
    assert resolved["subject"]["type"] == "Patient"


def test_unknown_resource_type_keeps_raw_json(spark, pipeline):
    rows = [{"value": put_bundle("Medication", "m1", status="active")}]
    pipeline.process_batch(batch(spark, rows), 1)
    import json

    med = pipeline.table("Medication").to_df().collect()[0]
    assert med["id"] == "m1"
    assert json.loads(med["resource_json"])["status"] == "active"


def test_encounter_and_procedure_encode_typed(spark, pipeline):
    """The remaining reference hot types (settings.py:69-75) get
    curated schemas: period/performed fields come out typed, not only
    as raw JSON."""
    rows = [
        {
            "value": put_bundle(
                "Encounter",
                "e1",
                status="finished",
                period={"start": "2024-01-01T10:00:00Z", "end": "2024-01-01T11:00:00Z"},
                subject={"reference": "Patient/1"},
            ),
            "offset": 0,
        },
        {
            "value": put_bundle(
                "Procedure",
                "pr1",
                status="completed",
                code={"text": "appendectomy"},
                performedDateTime="2024-01-01T10:30:00Z",
            ),
            "offset": 1,
        },
    ]
    pipeline.process_batch(batch(spark, rows), 1)
    enc = pipeline.table("Encounter").to_df().collect()[0]
    assert enc["status"] == "finished"
    assert enc["period"]["start"] == "2024-01-01T10:00:00Z"
    # verbatim reference string in storage (resolution is query-time)
    assert enc["subject"]["reference"] == "Patient/1"
    pr = pipeline.table("Procedure").to_df().collect()[0]
    assert pr["status"] == "completed"
    assert pr["code"]["text"] == "appendectomy"
    assert pr["performedDateTime"] == "2024-01-01T10:30:00Z"


def test_observation_decimal_encoding(spark, pipeline):
    """FHIR decimals encode as DecimalType (Pathling parity, SURVEY
    §7.3): Observation.valueQuantity.value survives with exact decimal
    semantics, not float."""
    import decimal

    rows = [
        {
            "value": put_bundle(
                "Observation",
                "obs1",
                status="final",
                valueQuantity={"value": 98.6, "unit": "degF", "code": "[degF]"},
            )
        }
    ]
    pipeline.process_batch(batch(spark, rows), 1)
    obs = pipeline.table("Observation").to_df()
    field = dict(obs.select("valueQuantity.value").dtypes)["value"]
    assert field.startswith("decimal")
    row = obs.collect()[0]
    assert row["valueQuantity"]["value"] == decimal.Decimal("98.6")
    assert row["valueQuantity"]["unit"] == "degF"


def test_malformed_bundles_go_to_dead_letter_table(spark, pipeline):
    """Unparseable or non-Bundle payloads land in the _corrupt table
    with provenance; valid rows in the same batch process normally.
    A syntactically valid Bundle with no entries is NOT corrupt — it
    just produces no rows (the reference silently emits nothing for
    these; dead-lettering them would flag healthy empty transactions)."""
    rows = [
        {"value": put_bundle("Patient", "ok1", active=True), "offset": 0},
        {"value": "this is not json {{{", "offset": 1},
        {"value": '{"resourceType": "Patient", "id": "naked"}', "offset": 2},
        {"value": '{"resourceType": "Bundle", "type": "transaction"}', "offset": 3},
        # entry PRESENT but the wrong shape (object, not array): Spark 4
        # partial-result parsing nulls just that field, which must read
        # as corrupt, not as a healthy empty bundle
        {"value": '{"resourceType": "Bundle", "entry": {"foo": 1}}', "offset": 4},
    ]
    pipeline.process_batch(batch(spark, rows), batch_id=7)
    assert pipeline.table("Patient").to_df().count() == 1
    corrupt = pipeline.corrupt_records().collect()
    assert len(corrupt) == 3
    assert {r["offset"] for r in corrupt} == {1, 2, 4}
    assert all(r["batch_id"] == 7 for r in corrupt)
    assert any("not json" in r["raw_value"] for r in corrupt)


def test_delete_only_first_batch_creates_empty_table(spark, pipeline):
    """Reference parity: the table is created before merging, so a
    DELETE for a never-seen type still materializes an empty table
    (reference creates from encoder schema unconditionally)."""
    pipeline.process_batch(
        batch(spark, [{"value": delete_bundle("Patient", "ghost")}]), 1
    )
    assert pipeline.table("Patient").exists()
    assert pipeline.table("Patient").to_df().count() == 0


def test_pipeline_registers_tables_when_configured(spark, tmp_path):
    from fhir_to_lakehouse_spark.streaming.pipeline import (
        BundlePipeline,
        PipelineConfig,
    )

    cfg = PipelineConfig(
        warehouse_dir=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ck"),
        register_schema="fhir_stream",
    )
    pipe = BundlePipeline(spark, cfg)
    pipe.process_batch(
        batch(spark, [{"value": put_bundle("Patient", "r1", active=True)}]), 1
    )
    got = spark.sql("SELECT id FROM fhir_stream.Patient").collect()
    assert [r["id"] for r in got] == ["r1"]


def test_multi_entry_bundle_explodes_to_all_entries(spark, pipeline):
    """One transaction Bundle carrying several entries of mixed types
    and methods — the 1:N explode path (reference P3). All entries
    share the Kafka offset; cross-type routing still applies."""
    import json

    bundle = json.dumps(
        {
            "resourceType": "Bundle",
            "type": "transaction",
            "entry": [
                {
                    "resource": {"resourceType": "Patient", "id": "p1", "active": True},
                    "request": {"method": "PUT", "url": "Patient/p1"},
                },
                {
                    "resource": {"resourceType": "Condition", "id": "c1"},
                    "request": {"method": "PUT", "url": "Condition/c1"},
                },
                {"request": {"method": "DELETE", "url": "Patient/p0"}},
                {
                    "resource": {"resourceType": "Patient", "id": "p2", "active": False},
                    "request": {"method": "PUT", "url": "Patient/p2"},
                },
            ],
        }
    )
    pipeline.process_batch(batch(spark, [{"value": bundle}]), 1)
    patients = pipeline.table("Patient").to_df()
    assert sorted(r["id"] for r in patients.collect()) == ["p1", "p2"]
    assert pipeline.table("Condition").to_df().count() == 1


def test_unknown_fields_do_not_break_encoding(spark, pipeline):
    """Incoming resources with fields outside the curated schema merge
    fine (schema evolution disabled like the reference,
    /root/reference/src/main.py:72); extras survive in resource_json."""
    import json

    pipeline.process_batch(
        batch(
            spark,
            [
                {
                    "value": put_bundle(
                        "Patient",
                        "x1",
                        active=True,
                        futureField={"nested": [1, 2, 3]},
                        anotherUnknown="y",
                    )
                }
            ],
        ),
        1,
    )
    row = pipeline.table("Patient").to_df().collect()[0]
    assert row["id"] == "x1" and row["active"] is True
    assert json.loads(row["resource_json"])["futureField"]["nested"] == [1, 2, 3]


def test_reprocessing_same_batch_is_idempotent(spark, pipeline):
    """foreachBatch may redeliver a batch after a crash-restart; MERGE
    semantics must make reprocessing a no-op (the reference's
    cross-batch correctness rests on this same idempotency)."""
    rows = [
        {"value": put_bundle("Patient", "1", active=True), "offset": 0},
        {"value": delete_bundle("Patient", "2"), "offset": 1},
        {"value": put_bundle("Patient", "3", active=False), "offset": 2},
    ]
    pipeline.process_batch(batch(spark, rows), 1)
    first = sorted(
        (r["id"], r["active"])
        for r in pipeline.table("Patient").to_df().collect()
    )
    pipeline.process_batch(batch(spark, rows), 1)  # redelivery
    second = sorted(
        (r["id"], r["active"])
        for r in pipeline.table("Patient").to_df().collect()
    )
    assert first == second == [("1", True), ("3", False)]


def test_upkeep_runs_on_interval_batch(spark, pipeline):
    # batch_id 0 triggers upkeep (reference test: batch_id=0 -> OPTIMIZE)
    pipeline.process_batch(
        batch(spark, [{"value": put_bundle("Patient", "1")}]), 0
    )
    assert pipeline.table("Patient").to_df().count() == 1


def test_unparseable_inner_resource_dead_lettered_not_merged(spark, pipeline):
    """A PUT whose envelope is valid but whose inner resource JSON fails
    the curated parse must NOT plant a null-id row in the keyed table —
    it goes to the resource dead-letter table with the raw payload."""
    import json

    bad = json.dumps(
        {
            "resourceType": "Bundle",
            "type": "transaction",
            "entry": [
                {
                    "resource": "{definitely not json",
                    "request": {"method": "PUT", "url": "Patient/x1"},
                }
            ],
        }
    )
    rows = [
        {"value": put_bundle("Patient", "ok", active=True), "offset": 0},
        {"value": bad, "offset": 1},
    ]
    pipeline.process_batch(batch(spark, rows), batch_id=3)
    ids = [r["id"] for r in pipeline.table("Patient").to_df().collect()]
    assert ids == ["ok"]  # no null-key row
    corrupt = pipeline.corrupt_resources().collect()
    assert len(corrupt) == 1
    assert corrupt[0]["resource_type"] == "Patient"
    assert corrupt[0]["batch_id"] == 3
    assert "definitely not json" in corrupt[0]["raw_resource"]


def test_all_invalid_batch_writes_no_table_file(spark, pipeline):
    """A batch whose every PUT is invalid dead-letters them and leaves
    the keyed tables alone: the same files and the same _SUCCESS
    stamp, so no rewrite ran."""
    import json
    import os

    pipeline.process_batch(
        batch(
            spark,
            [
                {"value": put_bundle("Patient", "p1", active=True), "offset": 0},
                {"value": put_bundle("Observation", "o1", status="final"), "offset": 1},
            ],
        ),
        batch_id=1,
    )

    def snapshot():
        out = {}
        for rt in ("Patient", "Observation"):
            path = pipeline.table(rt)._dir.os_path
            st = os.stat(os.path.join(path, "_SUCCESS"))
            out[rt] = (sorted(os.listdir(path)), st.st_ino, st.st_mtime_ns)
        return out

    before = snapshot()
    bad = [
        json.dumps(
            {
                "resourceType": "Bundle",
                "type": "transaction",
                "entry": [
                    {
                        "resource": "{not json",
                        "request": {"method": "PUT", "url": f"{rt}/x{i}"},
                    }
                ],
            }
        )
        for i, rt in enumerate(("Patient", "Observation"))
    ]
    pipeline.process_batch(
        batch(spark, [{"value": v, "offset": 2 + i} for i, v in enumerate(bad)]),
        batch_id=2,
    )
    assert snapshot() == before
    dead = sorted(
        (r["resource_type"], r["batch_id"])
        for r in pipeline.corrupt_resources().collect()
    )
    assert dead == [("Observation", 2), ("Patient", 2)]
    assert [r["id"] for r in pipeline.table("Patient").to_df().collect()] == ["p1"]


def test_observation_component_array_decodes_typed(spark, pipeline):
    """§2.9 encoder depth (round 4): Observation.component (multi-part
    panels) and referenceRange decode into typed nested arrays; the
    value[x] choice variants each land in their own typed column."""
    import decimal

    rows = [
        {
            "value": put_bundle(
                "Observation",
                "bp1",
                status="final",
                code={"text": "blood-pressure"},
                component=[
                    {
                        "code": {"text": "systolic"},
                        "valueQuantity": {"value": 120.5, "unit": "mm[Hg]"},
                    },
                    {
                        "code": {"text": "diastolic"},
                        "valueQuantity": {"value": 80.25, "unit": "mm[Hg]"},
                    },
                    {"code": {"text": "note"}, "valueString": "sitting"},
                ],
                referenceRange=[
                    {
                        "low": {"value": 90, "unit": "mm[Hg]"},
                        "high": {"value": 120, "unit": "mm[Hg]"},
                        "text": "normal",
                    }
                ],
                valueBoolean=True,
            )
        }
    ]
    pipeline.process_batch(batch(spark, rows), 1)
    obs = pipeline.table("Observation").to_df().collect()[0]
    comps = {c["code"]["text"]: c for c in obs["component"]}
    assert comps["systolic"]["valueQuantity"]["value"] == decimal.Decimal("120.5")
    assert comps["diastolic"]["valueQuantity"]["value"] == decimal.Decimal("80.25")
    assert comps["note"]["valueString"] == "sitting"
    assert comps["note"]["valueQuantity"] is None  # choice typing, not clobbering
    rr = obs["referenceRange"][0]
    assert rr["low"]["value"] == decimal.Decimal("90")
    assert rr["high"]["value"] == decimal.Decimal("120")
    assert rr["text"] == "normal"
    assert obs["valueBoolean"] is True


def test_medication_request_nested_dosage_decodes_typed(spark, pipeline):
    """Round-4 curated types: MedicationRequest (previously generic
    fallback) decodes doubly-nested dosageInstruction[].doseAndRate[]
    .doseQuantity; DiagnosticReport and Immunization get typed columns
    too."""
    import decimal

    rows = [
        {
            "value": put_bundle(
                "MedicationRequest",
                "mr1",
                status="active",
                intent="order",
                medicationCodeableConcept={"text": "lisinopril 10mg"},
                authoredOn="2024-03-01",
                dosageInstruction=[
                    {
                        "sequence": 1,
                        "text": "once daily",
                        "asNeededBoolean": False,
                        "doseAndRate": [
                            {"doseQuantity": {"value": 10, "unit": "mg"}}
                        ],
                    }
                ],
            ),
            "offset": 0,
        },
        {
            "value": put_bundle(
                "Immunization",
                "imm1",
                status="completed",
                vaccineCode={"text": "influenza"},
                occurrenceDateTime="2024-10-01T09:00:00Z",
                doseQuantity={"value": 0.5, "unit": "mL"},
            ),
            "offset": 1,
        },
    ]
    pipeline.process_batch(batch(spark, rows), 1)
    mr = pipeline.table("MedicationRequest").to_df().collect()[0]
    assert mr["status"] == "active"
    assert mr["medicationCodeableConcept"]["text"] == "lisinopril 10mg"
    dq = mr["dosageInstruction"][0]["doseAndRate"][0]["doseQuantity"]
    assert dq["value"] == decimal.Decimal("10")
    assert dq["unit"] == "mg"
    imm = pipeline.table("Immunization").to_df().collect()[0]
    assert imm["vaccineCode"]["text"] == "influenza"
    assert imm["doseQuantity"]["value"] == decimal.Decimal("0.5")


def test_pipeline_encode_extensions_widens_and_serves_views(spark, tmp_path):
    """encode_extensions=True (the Pathling enableExtensions analog):
    a table written WITHOUT extensions widens additively when the
    setting flips on — old rows read NULL extensions — and a compiled
    extension('url') view answers from the stored table."""
    from fhir_to_lakehouse_spark.operators.view_definition import compile_view

    base = dict(
        warehouse_dir=str(tmp_path / "warehouse"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        upkeep_interval=50,
    )
    p1 = BundlePipeline(spark, PipelineConfig(**base))
    p1.process_batch(
        batch(
            spark,
            [{"value": put_bundle("Patient", "old", active=True), "offset": 0}],
        ),
        0,
    )
    birthsex_url = (
        "http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex"
    )
    p2 = BundlePipeline(spark, PipelineConfig(**base, encode_extensions=True))
    p2.process_batch(
        batch(
            spark,
            [
                {
                    "value": put_bundle(
                        "Patient",
                        "new",
                        active=True,
                        extension=[{"url": birthsex_url, "valueCode": "F"}],
                    ),
                    "offset": 1,
                }
            ],
        ),
        1,
    )
    stored = p2.table("Patient").to_df()
    assert "extension" in stored.columns
    view = {
        "resource": "Patient",
        "select": [
            {
                "column": [
                    {"name": "pid", "path": "id"},
                    {
                        "name": "birthsex",
                        "path": f"extension('{birthsex_url}').first().valueCode",
                    },
                ]
            }
        ],
    }
    got = {r.pid: r.birthsex for r in compile_view(view, stored).collect()}
    assert got == {"old": None, "new": "F"}


def test_type_pool_lands_expected_tables(spark, pipeline):
    """The types of a batch run side by side on the driver thread pool
    over the shared winners cache; each lands exactly its own table."""
    rows = [
        {"value": put_bundle("Patient", "1", active=True), "offset": 0},
        {"value": put_bundle("Patient", "2", active=False), "offset": 1},
        {"value": delete_bundle("Patient", "2"), "offset": 2},
        {"value": put_bundle("Observation", "10", status="final"), "offset": 3},
        {"value": put_bundle("Observation", "10", status="amended"), "offset": 4},
        {"value": put_bundle("Condition", "20"), "offset": 5},
        {"value": delete_bundle("Condition", "99"), "offset": 6},
    ]
    pipeline.process_batch(batch(spark, rows), batch_id=1)
    got = {
        rt: sorted(
            tuple(r) for r in pipeline.table(rt).to_df().select("id").collect()
        )
        for rt in ("Patient", "Observation", "Condition")
    }
    assert got == {
        "Patient": [("1",)],
        "Observation": [("10",)],
        "Condition": [("20",)],
    }
    obs = pipeline.table("Observation").to_df().collect()[0]
    assert obs["status"] == "amended"


# Spark jobs of test_mixed_batch_job_count's batch, as measured: the
# two caches, the one count and the corrupt probe, then only writes.
# Its four table reads (Patient merge and delete, Observation merge,
# Condition delete) use the schema the tables' last write recorded,
# so none runs a schema-inference job. A probe job added per type (a
# persisted dedup, a winners aggregate, a validity check) or one
# inference job per read pushes it past this.
MIXED_BATCH_MAX_JOBS = 17


# Inner-resource payloads the pipeline's id-only validity flag must
# judge exactly like the curated encode (null id <=> invalid)
_ODD_RESOURCES = [
    None,
    "{definitely not json",
    "",
    "null",
    '"just a string"',
    '[{"id": "in-array"}]',
    '[{"id": "a"}, {"id": "b"}]',
    '{"id": 42}',
    '{"id": {"nested": "x"}}',
    '{"id": null}',
    '{"resourceType": "Patient"}',
    '{"id": "t1"} trailing garbage',
    '{"id": "t2", "name": [',
    '{"id": "ok-1", "status": "final"}',
    # a valid id beside siblings whose types clash with every curated
    # schema checked below
    '{"id": "mixed", "active": "yes", "birthDate": "not-a-date",'
    ' "name": "oops", "status": {"a": 1}, "subject": "Patient/1",'
    ' "valueQuantity": {"value": "abc"}, "valueInteger": "seven",'
    ' "component": {"x": 1}, "category": "vital", "code": [1, 2],'
    ' "clinicalStatus": true, "period": 3, "class": [],'
    ' "participant": "none"}',
    '{"id": "big", "valueInteger": 1e40, "multipleBirthBoolean": 3}',
]


@pytest.mark.parametrize(
    "resource_type", ["Patient", "Observation", "Condition", "Encounter"]
)
def test_id_only_validity_matches_curated_encode(spark, resource_type):
    """process_batch flags a PUT invalid when from_json(resource,
    struct<id:string>).id is null, and merges only unflagged rows. That
    is safe only if the curated encode yields a null id for exactly the
    same rows: a row valid by id alone but null-keyed by the full parse
    would land a null-key row in the table."""
    from pyspark.sql import functions as F

    from fhir_to_lakehouse_spark.operators.bundles import encode_resources

    df = spark.createDataFrame(
        [(r,) for r in _ODD_RESOURCES], "resource string"
    ).coalesce(1)
    flagged = [
        r[0]
        for r in df.select(
            F.from_json("resource", "struct<id:string>")["id"].isNull()
        ).collect()
    ]
    # every column collected: Catalyst cannot prune the curated parse
    # down to `id`
    encoded = encode_resources(df, resource_type).collect()
    assert len(encoded) == len(_ODD_RESOURCES)
    assert [r["id"] is None for r in encoded] == flagged
    assert flagged.count(False) >= 6  # the valid rows are really there


def test_mixed_batch_job_count(spark, pipeline, monkeypatch):
    """A mixed batch (3 types, a PUT/DELETE race, an invalid inner
    resource, a corrupt envelope) into existing tables runs a bounded
    number of Spark jobs: one parse cache, one winners cache and one
    count, then only the writes. Jobs are counted under a job group,
    which the type pool's inheritable_thread_target carries into its
    threads."""
    import json

    seed = [
        {"value": put_bundle("Patient", "p1", active=True), "offset": 0},
        {"value": put_bundle("Observation", "o1", status="final"), "offset": 1},
        {"value": put_bundle("Condition", "c1"), "offset": 2},
    ]
    pipeline.process_batch(batch(spark, seed), batch_id=1)
    bad = json.dumps(
        {
            "resourceType": "Bundle",
            "type": "transaction",
            "entry": [
                {
                    "resource": "{not json",
                    "request": {"method": "PUT", "url": "Observation/o9"},
                }
            ],
        }
    )
    rows = [
        {"value": put_bundle("Patient", "p1", active=False), "offset": 3},
        {"value": delete_bundle("Patient", "p1"), "offset": 4},
        {"value": put_bundle("Patient", "p2", active=True), "offset": 5},
        {"value": put_bundle("Observation", "o2", status="final"), "offset": 6},
        {"value": bad, "offset": 7},
        {"value": delete_bundle("Condition", "c1"), "offset": 8},
        {"value": "not a bundle {{{", "offset": 9},
    ]
    DataFrame = type(spark.range(1))  # the concrete (classic) class
    persisted = []
    real_persist = DataFrame.persist

    def persist(df, *args, **kwargs):
        persisted.append(df)
        return real_persist(df, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "persist", persist)
    with jobs_in(spark) as jobs:
        pipeline.process_batch(batch(spark, rows), batch_id=2)
    n_jobs = len(jobs)
    # the batch did its work
    ids = {
        rt: sorted(r["id"] for r in pipeline.table(rt).to_df().collect())
        for rt in ("Patient", "Observation", "Condition")
    }
    assert ids == {"Patient": ["p2"], "Observation": ["o1", "o2"], "Condition": []}
    assert pipeline.corrupt_records().count() == 1
    assert pipeline.corrupt_resources().count() == 1
    assert n_jobs <= MIXED_BATCH_MAX_JOBS, n_jobs
    # the parse cache and the winners cache, nothing per type
    assert len(persisted) == 2


def test_batch_logs_come_from_the_one_count(spark, tmp_path, capsys):
    """log_batch_stats prints the winner counts the batch already
    collected; log_topic_counts adds one per-(type, topic) table."""
    cfg = PipelineConfig(
        warehouse_dir=str(tmp_path / "warehouse"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        log_batch_stats=True,
        log_topic_counts=True,
    )
    rows = [
        {"value": put_bundle("Patient", "1"), "offset": 0},
        {"value": put_bundle("Patient", "1", active=True), "offset": 1},
        {"value": delete_bundle("Condition", "9"), "offset": 2},
    ]
    BundlePipeline(spark, cfg).process_batch(batch(spark, rows), batch_id=4)
    out = capsys.readouterr().out
    assert "batch 4: Patient PUT invalid=False: 1" in out
    assert "batch 4: Condition DELETE invalid=False: 1" in out
    assert "|resource_type|topic" in out.replace(" ", "")


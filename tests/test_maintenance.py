"""lakehousekeeper parity tests: discovery, vacuum, optimize, register,
and the CLI wiring."""

from __future__ import annotations

from pyspark.sql import types as T

from fhir_to_lakehouse_spark import maintenance as M
from fhir_to_lakehouse_spark.sinks.keyed_table import KeyedTable

SCHEMA = T.StructType(
    [T.StructField("id", T.StringType()), T.StructField("v", T.IntegerType())]
)


def seed(spark, tmp_path, names=("Patient", "Condition")):
    """Two-row tables written straight as two parquet files each: a
    KeyedTable merge would already write them compact, and optimize
    must have something to compact."""
    wh = tmp_path / "wh"
    for n in names:
        path = str(wh / f"{n}.parquet")
        spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA).repartition(
            2
        ).write.parquet(path)
        assert KeyedTable(spark, path).detail()["numFiles"] == 2
    return str(wh)


def test_discover_tables(spark, tmp_path):
    wh = seed(spark, tmp_path)
    found = M.discover_tables(wh)
    assert [p.rsplit("/", 1)[-1] for p in found] == [
        "Condition.parquet",
        "Patient.parquet",
    ]


def test_optimize_all_compacts(spark, tmp_path):
    wh = seed(spark, tmp_path)
    done = M.optimize_all(spark, wh)
    assert len(done) == 2
    for p in done:
        assert KeyedTable(spark, p).detail()["numFiles"] == 1
        assert KeyedTable(spark, p).to_df().count() == 2


def test_vacuum_all_dry_run(spark, tmp_path):
    wh = seed(spark, tmp_path)
    assert len(M.vacuum_all(spark, wh, dry_run=True)) == 2
    assert (
        len(
            M.vacuum_all(
                spark,
                wh,
                retention_hours=0.0,
                dry_run=False,
                enforce_retention_duration=False,
            )
        )
        == 2
    )


def test_vacuum_all_api_defaults_are_safe(spark, tmp_path):
    """Python-API defaults must match the CLI's safe-by-default stance:
    a bare vacuum_all(spark, dir) is a dry run with the floor enforced —
    it must never delete files."""
    import inspect

    sig = inspect.signature(M.vacuum_all)
    assert sig.parameters["dry_run"].default is True
    assert sig.parameters["enforce_retention_duration"].default is True


def test_vacuum_dry_run_still_validates_retention_floor(spark, tmp_path):
    """The floor guard fires during dry-run too (reference enforces
    retentionDurationCheck in dry-run): `vacuum --retention-hours 1`
    must fail the same way with and without --no-dry-run."""
    import pytest as _pytest

    wh = seed(spark, tmp_path)
    with _pytest.raises(ValueError, match="floor"):
        M.vacuum_all(spark, wh, retention_hours=1.0, dry_run=True)


def test_register_all(spark, tmp_path):
    wh = seed(spark, tmp_path)
    names = M.register_all(spark, wh, schema="fhir_test")
    assert names == ["fhir_test.Condition", "fhir_test.Patient"]
    assert spark.sql("SELECT count(*) c FROM fhir_test.Patient").collect()[0]["c"] == 2
    # idempotent
    assert M.register_all(spark, wh, schema="fhir_test") == names


def test_discovery_ignores_tmp_dirs(spark, tmp_path):
    wh = seed(spark, tmp_path)
    (tmp_path / "wh" / "Patient.parquet.tmp-deadbeef").mkdir()
    found = M.discover_tables(wh)
    assert len(found) == 2


def test_discover_tables_hadoop_fs_uri(spark, tmp_path):
    """Scheme'd URIs route through the Hadoop FileSystem API (the s3a://
    code path, exercised here via file:// which uses the same listing)."""
    import pytest

    wh = seed(spark, tmp_path)
    found = M.discover_tables(f"file://{wh}", spark)
    assert [p.rsplit("/", 1)[-1] for p in found] == [
        "Condition.parquet",
        "Patient.parquet",
    ]
    assert all(p.startswith("file:") for p in found)
    assert M.discover_tables(f"file://{wh}/nope", spark) == []
    with pytest.raises(ValueError):
        M.discover_tables("s3a://bucket/prefix")  # no session given


def test_maintenance_over_hadoop_fs_uri(spark, tmp_path):
    """vacuum/optimize/register work end-to-end when discovery returns
    scheme'd paths (KeyedTable fallback ops read/write through Spark,
    which resolves file:// like any Hadoop path)."""
    wh = seed(spark, tmp_path, names=("Patient",))
    done = M.optimize_all(spark, f"file://{wh}")
    assert len(done) == 1
    t = KeyedTable(spark, done[0])
    assert t.to_df().count() == 2
    assert t.detail()["numFiles"] == 1  # compaction actually ran


def test_discover_tables_single_slash_file_uri(spark, tmp_path):
    """Hadoop Path.toString() renders local URIs as 'file:/p' (single
    slash); discovery must treat that as a scheme'd URI, not try
    os.path.isdir('file:/p') and silently return []."""
    wh = seed(spark, tmp_path)
    found = M.discover_tables(f"file:{wh}", spark)
    assert [p.rsplit("/", 1)[-1] for p in found] == [
        "Condition.parquet",
        "Patient.parquet",
    ]


def test_vacuum_retention_guard(spark, tmp_path):
    """Reference lakehousekeeper parity: with enforcement on, retention
    below the 1-week floor is rejected (vacuuming a shorter window than
    the longest-running reader breaks its snapshot); disabling the
    guard is the explicit opt-out (lakehousekeeper.py:121-127)."""
    import pytest as _pytest

    from fhir_to_lakehouse_spark.sinks.keyed_table import KeyedTable

    wh = seed(spark, tmp_path)
    with _pytest.raises(ValueError, match="retention floor"):
        M.vacuum_all(
            spark, wh, retention_hours=1.0, enforce_retention_duration=True
        )
    # floor default passes with enforcement on
    assert len(M.vacuum_all(spark, wh, enforce_retention_duration=True)) == 2
    # explicit opt-out allows small retention
    assert (
        len(
            M.vacuum_all(
                spark, wh, retention_hours=1.0, enforce_retention_duration=False
            )
        )
        == 2
    )
    t = KeyedTable(spark, M.discover_tables(wh)[0])
    with _pytest.raises(ValueError, match="retention floor"):
        t.vacuum(0.5, enforce_retention_duration=True)


def test_vacuum_cli_is_dry_run_and_enforcing_by_default(spark, tmp_path, monkeypatch):
    """The CLI must mirror the reference's safe defaults: dry-run True,
    enforcement True, retention None -> 1-week default."""
    calls = {}

    def fake_vacuum_all(spark_, wh, retention, dry_run, enforce):
        calls.update(
            retention=retention, dry_run=dry_run, enforce=enforce, wh=wh
        )
        return []

    monkeypatch.setattr(M, "vacuum_all", fake_vacuum_all)
    monkeypatch.setattr(M, "get_spark", lambda *a, **k: spark)
    assert M.main(["vacuum", "--warehouse", str(tmp_path)]) == 0
    assert calls == {
        "retention": None,
        "dry_run": True,
        "enforce": True,
        "wh": str(tmp_path),
    }
    assert (
        M.main(
            [
                "vacuum",
                "--warehouse",
                str(tmp_path),
                "--retention-hours",
                "1",
                "--no-dry-run",
                "--no-enforce-retention-duration",
            ]
        )
        == 0
    )
    assert calls["retention"] == 1.0
    assert calls["dry_run"] is False
    assert calls["enforce"] is False


def test_register_cli_passes_metastore_uri(spark, tmp_path, monkeypatch):
    """--hive-metastore wires the URI into the session conf like the
    reference register command (lakehousekeeper.py:243-257)."""
    seen = {}

    def fake_get_spark(name, extra_conf=None, **kw):
        seen["extra"] = extra_conf
        return spark

    monkeypatch.setattr(M, "get_spark", fake_get_spark)
    monkeypatch.setattr(M, "register_all", lambda *a, **k: [])
    assert (
        M.main(
            [
                "register",
                "--warehouse",
                str(tmp_path),
                "--hive-metastore",
                "thrift://hive-metastore:9083",
            ]
        )
        == 0
    )
    assert seen["extra"] == {
        "spark.hive.metastore.uris": "thrift://hive-metastore:9083",
        "spark.sql.catalogImplementation": "hive",
    }
    # without the flag, no hive conf is injected
    M.main(["register", "--warehouse", str(tmp_path)])
    assert seen["extra"] is None


def test_cli_restore_and_zorder_optimize(spark, tmp_path, monkeypatch):
    """The restore and optimize --zorder-by CLI paths end to end."""
    import fhir_to_lakehouse_spark.maintenance as m
    from fhir_to_lakehouse_spark.sinks.keyed_table import KeyedTable

    monkeypatch.setattr(m, "get_spark", lambda *a, **k: spark)
    path = str(tmp_path / "t.parquet")
    t = KeyedTable(spark, path, key="id", changelog=True)
    t.merge_upsert(spark.createDataFrame([("a", 1), ("b", 2)], "id string, v long"))
    t.merge_upsert(spark.createDataFrame([("a", 9)], "id string, v long"))

    assert m.main(["restore", "--table", path, "--version", "0"]) == 0
    assert {r.id: r.v for r in t.to_df().collect()} == {"a": 1, "b": 2}

    assert m.main(
        ["optimize", "--warehouse", str(tmp_path), "--zorder-by", "v"]
    ) == 0
    assert {r.id: r.v for r in t.to_df().collect()} == {"a": 1, "b": 2}


def test_create_views_temp_and_materialized(spark, tmp_path):
    """create-view compiles a ViewDefinition JSON over the stored
    Patient table: temp-view registration by default, parquet
    materialization with --materialize."""
    import json

    wh = tmp_path / "wh"
    pat = KeyedTable(spark, str(wh / "Patient.parquet"))
    resources = [
        {
            "resourceType": "Patient",
            "id": "p1",
            "active": True,
            "name": [{"family": "Ada", "given": ["A"]}],
        },
        {
            "resourceType": "Patient",
            "id": "p2",
            "active": False,
            "name": [{"family": "Bob", "given": ["B"]}],
        },
    ]
    from fhir_to_lakehouse_spark.operators.bundles import encode_resources

    enc = encode_resources(
        spark.createDataFrame(
            [(json.dumps(r),) for r in resources], "resource string"
        ),
        "Patient",
    )
    pat.merge_upsert(enc.select("id", "active", "name", "resource_json"))

    vd = {
        "name": "patient_flat",
        "resource": "Patient",
        "select": [
            {
                "column": [
                    {"name": "pid", "path": "getResourceKey()"},
                    {"name": "family", "path": "name.first().family"},
                    {"name": "is_active", "path": "active", "type": "boolean"},
                ]
            }
        ],
    }
    vp = tmp_path / "patient_flat.json"
    vp.write_text(json.dumps(vd))

    out = M.create_views(spark, str(wh), [str(vp)])
    assert out == ["patient_flat (temp view)"]
    got = {
        r.pid: (r.family, r.is_active)
        for r in spark.sql("SELECT * FROM patient_flat").collect()
    }
    assert got == {"p1": ("Ada", True), "p2": ("Bob", False)}

    mat = tmp_path / "views"
    out = M.create_views(spark, str(wh), [str(vp)], str(mat))
    assert out == [f"patient_flat -> {mat / 'patient_flat'}"]
    back = spark.read.parquet(str(mat / "patient_flat"))
    assert back.count() == 2 and set(back.columns) == {
        "pid",
        "family",
        "is_active",
    }

    # unknown resource table -> clear error
    vd["resource"] = "Observation"
    vp.write_text(json.dumps(vd))
    try:
        M.create_views(spark, str(wh), [str(vp)])
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError as e:
        assert "Observation" in str(e)


def test_create_views_remote_dest_overwrites_in_place(
    spark, tmp_path, monkeypatch
):
    """A remote --materialize dest cannot go through the local-rename
    swap: the view is written straight to ``dest`` with a plain
    overwrite, so no ``.tmp-*`` staged copy is left in the store."""
    import json

    from pyspark.sql.readwriter import DataFrameWriter

    wh = tmp_path / "wh"
    KeyedTable(spark, str(wh / "Patient.parquet")).merge_upsert(
        spark.createDataFrame([("p1",)], "id string")
    )
    vp = tmp_path / "v.json"
    vp.write_text(
        json.dumps(
            {
                "name": "v",
                "resource": "Patient",
                "select": [{"column": [{"name": "pid", "path": "id"}]}],
            }
        )
    )
    written = []
    monkeypatch.setattr(
        DataFrameWriter, "parquet", lambda self, path, *a, **k: written.append(path)
    )
    out = M.create_views(spark, str(wh), [str(vp)], "s3a://bucket/views")
    assert written == ["s3a://bucket/views/v"]
    assert out == ["v -> s3a://bucket/views/v"]


def test_export_bulk_roundtrip(spark, tmp_path):
    """maintenance export writes each stored resource table as per-type
    NDJSON that reads back byte-identically through read_bulk_export;
    tables without resource_json are skipped, not crashed."""
    import json

    from fhir_to_lakehouse_spark.operators.bundles import encode_resources
    from fhir_to_lakehouse_spark.sources.bulk_export import read_bulk_export

    wh = tmp_path / "wh"
    resources = [
        {"resourceType": "Patient", "id": "p1", "active": True},
        {"resourceType": "Patient", "id": "p2", "active": False},
    ]
    enc = encode_resources(
        spark.createDataFrame(
            [(json.dumps(r),) for r in resources], "resource string"
        ),
        "Patient",
    )
    KeyedTable(spark, str(wh / "Patient.parquet")).merge_upsert(
        enc.select("id", "active", "resource_json")
    )
    # a non-resource table (no resource_json) must be skipped
    KeyedTable(spark, str(wh / "Metrics.parquet")).merge_upsert(
        spark.createDataFrame([("a", 1)], SCHEMA)
    )

    out = M.export_bulk(spark, str(wh), str(tmp_path / "exp"))
    assert any(line.startswith("Metrics: SKIPPED") for line in out)
    assert any(line.startswith("Patient -> ") for line in out)

    back = read_bulk_export(spark, str(tmp_path / "exp" / "Patient"), "Patient")
    assert sorted(r.id for r in back.collect()) == ["p1", "p2"]
    orig = sorted(r.resource_json for r in enc.collect())
    redo = sorted(r.resource_json for r in back.collect())
    assert orig == redo

    # --type filter restricts the export set
    only = M.export_bulk(
        spark, str(wh), str(tmp_path / "exp2"), types=["Metrics"]
    )
    assert only == ["Metrics: SKIPPED (no resource_json column)"]


def test_refresh_view_cli_function(spark, tmp_path):
    """refresh-view: full build then incremental, through the
    maintenance-level wrapper."""
    import json

    from fhir_to_lakehouse_spark.operators.bundles import encode_resources

    def enc(patients):
        return encode_resources(
            spark.createDataFrame(
                [(json.dumps(p),) for p in patients], "resource string"
            ),
            "Patient",
        ).select("id", "gender", "resource_json")

    tbl = str(tmp_path / "Patient.parquet")
    src = KeyedTable(spark, tbl, changelog=True)
    src.merge_upsert(
        enc([{"resourceType": "Patient", "id": "p1", "gender": "female"}])
    )
    vd = {
        "name": "pf",
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
    vp = tmp_path / "pf.json"
    vp.write_text(json.dumps(vd))
    dest = str(tmp_path / "pf")

    msg = M.refresh_view(spark, tbl, str(vp), dest)
    assert msg.startswith("pf: full")
    src.merge_upsert(
        enc([{"resourceType": "Patient", "id": "p2", "gender": "male"}])
    )
    msg = M.refresh_view(spark, tbl, str(vp), dest)
    assert "incremental" in msg and "resources 1" in msg
    got = {r.pid: r.gender for r in spark.read.parquet(dest).collect()}
    assert got == {"p1": "female", "p2": "male"}


def test_export_everything_cohort(spark, tmp_path):
    """maintenance everything: per-type NDJSON restricted to a patient
    cohort's compartment — Patient links to self, Observation via
    subject; a two-patient Account resource exports its line ONCE."""
    import json

    from fhir_to_lakehouse_spark.operators.bundles import encode_resources
    from fhir_to_lakehouse_spark.sources.bulk_export import read_bulk_export

    wh = tmp_path / "wh"

    def table(rtype, resources, cols):
        enc = encode_resources(
            spark.createDataFrame(
                [(json.dumps(r),) for r in resources], "resource string"
            ),
            rtype,
        )
        KeyedTable(spark, str(wh / f"{rtype}.parquet")).merge_upsert(
            enc.select(*cols, "resource_json")
        )

    table(
        "Patient",
        [
            {"resourceType": "Patient", "id": "p1"},
            {"resourceType": "Patient", "id": "p2"},
        ],
        ["id"],
    )
    table(
        "Observation",
        [
            {"resourceType": "Observation", "id": "o1",
             "subject": {"reference": "Patient/p1"}},
            {"resourceType": "Observation", "id": "o2",
             "subject": {"reference": "Patient/p2"}},
        ],
        ["id", "status", "subject"],
    )
    table(
        "Account",
        [
            {"resourceType": "Account", "id": "a1",
             "subject": [
                 {"reference": "Patient/p1"},
                 {"reference": "Patient/p3"},
             ]},
        ],
        ["id", "subject"],
    )

    out = M.export_everything(
        spark, str(wh), str(tmp_path / "ev"), patients=["p1", "p3"]
    )
    assert any(line.startswith("Patient -> ") for line in out)

    pats = read_bulk_export(spark, str(tmp_path / "ev" / "Patient"), "Patient")
    assert [r.id for r in pats.collect()] == ["p1"]
    obs = read_bulk_export(
        spark, str(tmp_path / "ev" / "Observation"), "Observation"
    )
    assert [r.id for r in obs.collect()] == ["o1"]
    # the Account matched through BOTH cohort patients — exactly one line
    acct_lines = (
        spark.read.text(str(tmp_path / "ev" / "Account")).collect()
    )
    assert len(acct_lines) == 1
    assert json.loads(acct_lines[0].value)["id"] == "a1"


def test_export_everything_group_cohort(spark, tmp_path):
    """maintenance everything --group: the cohort comes from a stored
    Group resource's active members (Bulk Data group-level export)."""
    import json

    from fhir_to_lakehouse_spark.operators.bundles import encode_resources
    from fhir_to_lakehouse_spark.sources.bulk_export import read_bulk_export

    wh = tmp_path / "wh"

    def table(rtype, resources, cols):
        enc = encode_resources(
            spark.createDataFrame(
                [(json.dumps(r),) for r in resources], "resource string"
            ),
            rtype,
        )
        KeyedTable(spark, str(wh / f"{rtype}.parquet")).merge_upsert(
            enc.select(*cols, "resource_json")
        )

    table(
        "Patient",
        [
            {"resourceType": "Patient", "id": "p1"},
            {"resourceType": "Patient", "id": "p2"},
        ],
        ["id"],
    )
    table(
        "Group",
        [
            {"resourceType": "Group", "id": "cohort-a", "type": "person",
             "member": [
                 {"entity": {"reference": "Patient/p2"}},
                 {"entity": {"reference": "Patient/p1"}, "inactive": True},
             ]},
        ],
        ["id", "member"],
    )

    M.export_everything(
        spark, str(wh), str(tmp_path / "gx"), group="cohort-a"
    )
    pats = read_bulk_export(spark, str(tmp_path / "gx" / "Patient"), "Patient")
    assert [r.id for r in pats.collect()] == ["p2"]
    import pytest

    with pytest.raises(ValueError, match="not both"):
        M.export_everything(
            spark, str(wh), str(tmp_path / "gx2"),
            patients=["p1"], group="cohort-a",
        )


def test_export_bulk_since_version_incremental(spark, tmp_path):
    """export --since-version: only keys whose latest change is in the
    window and alive — updated rows export their NEWEST body,
    unchanged rows stay home, delete-in-window keys export nothing,
    and changelog-less tables are reported."""
    import json

    from fhir_to_lakehouse_spark.operators.bundles import encode_resources

    wh = tmp_path / "wh"
    tbl = KeyedTable(spark, str(wh / "Patient.parquet"), changelog=True)

    def enc(resources):
        return encode_resources(
            spark.createDataFrame(
                [(json.dumps(r),) for r in resources], "resource string"
            ),
            "Patient",
        ).select("id", "active", "resource_json")

    # v0: p1..p3
    tbl.merge_upsert(
        enc(
            [
                {"resourceType": "Patient", "id": "p1", "active": True},
                {"resourceType": "Patient", "id": "p2", "active": True},
                {"resourceType": "Patient", "id": "p3", "active": True},
            ]
        )
    )
    # v1: update p2, insert p4
    tbl.merge_upsert(
        enc(
            [
                {"resourceType": "Patient", "id": "p2", "active": False},
                {"resourceType": "Patient", "id": "p4", "active": True},
            ]
        )
    )
    # v2: delete p4
    tbl.merge_delete(spark.createDataFrame([("p4",)], "id string"))
    assert tbl.changelog_version() == 2

    out = M.export_bulk(
        spark, str(wh), str(tmp_path / "inc"), since_version=1
    )
    assert any(line.startswith("Patient -> ") for line in out)
    lines = [
        json.loads(r.value)
        for r in spark.read.text(str(tmp_path / "inc" / "Patient")).collect()
    ]
    got = {d["id"]: d for d in lines}
    # p2's post-image only; p1/p3 unchanged; p4 deleted in-window
    assert set(got) == {"p2"}
    assert got["p2"]["active"] is False

    # a changelog-less table reports instead of full-exporting
    KeyedTable(spark, str(wh / "Observation.parquet")).merge_upsert(
        enc([{"resourceType": "Patient", "id": "x"}])
    )
    out2 = M.export_bulk(
        spark, str(wh), str(tmp_path / "inc2"), since_version=0
    )
    assert any("no changelog" in line for line in out2)


def test_export_bulk_at_version_snapshot(spark, tmp_path):
    """export --at-version: the NDJSON matches the table state AS OF
    that change version — an update after the pin never leaks in."""
    import json

    from fhir_to_lakehouse_spark.operators.bundles import encode_resources

    wh = tmp_path / "wh"
    tbl = KeyedTable(spark, str(wh / "Patient.parquet"), changelog=True)

    def enc(resources):
        return encode_resources(
            spark.createDataFrame(
                [(json.dumps(r),) for r in resources], "resource string"
            ),
            "Patient",
        ).select("id", "active", "resource_json")

    tbl.merge_upsert(
        enc([{"resourceType": "Patient", "id": "p1", "active": True}])
    )
    tbl.merge_upsert(
        enc([{"resourceType": "Patient", "id": "p1", "active": False}])
    )

    M.export_bulk(spark, str(wh), str(tmp_path / "v0"), at_version=0)
    lines = [
        json.loads(r.value)
        for r in spark.read.text(str(tmp_path / "v0" / "Patient")).collect()
    ]
    assert len(lines) == 1 and lines[0]["active"] is True

    import pytest

    with pytest.raises(ValueError, match="not both"):
        M.export_bulk(
            spark, str(wh), str(tmp_path / "x"),
            since_version=0, at_version=0,
        )


def test_validate_tables_cli_function(spark, tmp_path):
    """maintenance validate: spec JSON against stored tables, one
    summary line per rule; missing tables reported."""
    import json

    from fhir_to_lakehouse_spark.operators.bundles import encode_resources

    wh = tmp_path / "wh"
    resources = [
        {"resourceType": "Patient", "id": "p1", "gender": "female"},
        {"resourceType": "Patient", "id": "p2"},
    ]
    enc = encode_resources(
        spark.createDataFrame(
            [(json.dumps(r),) for r in resources], "resource string"
        ),
        "Patient",
    )
    KeyedTable(spark, str(wh / "Patient.parquet")).merge_upsert(
        enc.select("id", "gender", "resource_json")
    )
    spec = {
        "resource": "Patient",
        "rules": [
            {"key": "gender_required", "type": "required", "path": "gender"}
        ],
    }
    sp = tmp_path / "patient_spec.json"
    sp.write_text(json.dumps(spec))
    other = tmp_path / "obs_spec.json"
    other.write_text(json.dumps({"resource": "Observation", "rules": spec["rules"]}))

    out = M.validate_tables(spark, str(wh), [str(sp), str(other)])
    assert "Patient.gender_required: 1 violations / 2 checked" in out
    assert any(line.startswith("Observation: SKIPPED") for line in out)


# ---------------------------------------------------------------- delta-rs


class _FakeDeltaRs:
    """Stand-in for the Rust `deltalake` package (not shipped in this
    container): records vacuum/optimize calls so the no-JVM dispatch,
    argument plumbing, and _delta_log gating are tested for real. The
    live library is exercised wherever it IS installed — the branch
    imports it lazily and changes nothing else."""

    def __init__(self):
        self.calls = []
        fake = self

        class _Optimize:
            def __init__(self, path):
                self.path = path

            def compact(self, target_size=None):
                fake.calls.append(("compact", self.path, target_size))
                return {"numFilesAdded": 1}

            def z_order(self, cols, target_size=None):
                fake.calls.append(("z_order", self.path, tuple(cols)))
                return {"numFilesAdded": 1}

        class DeltaTable:
            def __init__(self, path):
                self.path = path
                self.optimize = _Optimize(path)

            def vacuum(
                self,
                retention_hours=None,
                dry_run=True,
                enforce_retention_duration=True,
            ):
                fake.calls.append(
                    ("vacuum", self.path, retention_hours, dry_run,
                     enforce_retention_duration)
                )
                return ["part-000.parquet"]

        self.DeltaTable = DeltaTable


def _fake_warehouse(tmp_path):
    """Two table dirs: one with a _delta_log (delta-rs eligible), one
    parquet-fallback (must be SKIPPED, never touched)."""
    d1 = tmp_path / "Patient.parquet"
    (d1 / "_delta_log").mkdir(parents=True)
    d2 = tmp_path / "Observation.parquet"
    d2.mkdir()
    return str(tmp_path), str(d1), str(d2)


def test_deltars_vacuum_dispatch_and_delta_log_gate(tmp_path, monkeypatch):
    import sys

    fake = _FakeDeltaRs()
    monkeypatch.setitem(sys.modules, "deltalake", fake)
    wh, d1, d2 = _fake_warehouse(tmp_path)
    out = M.vacuum_all_deltars(wh, retention_hours=200.0, dry_run=True)
    # Delta table vacuumed with the exact safety args; fallback skipped
    assert fake.calls == [("vacuum", d1, 200, True, True)]
    assert any("would delete 1 files" in line for line in out)
    assert any("SKIPPED" in line and "Observation" in line for line in out)


def test_deltars_vacuum_enforces_retention_floor(tmp_path, monkeypatch):
    import sys

    import pytest as _pytest

    fake = _FakeDeltaRs()
    monkeypatch.setitem(sys.modules, "deltalake", fake)
    wh, _, _ = _fake_warehouse(tmp_path)
    with _pytest.raises(ValueError, match="retention floor"):
        M.vacuum_all_deltars(wh, retention_hours=1.0)
    assert fake.calls == []  # rejected before touching any table
    out = M.vacuum_all_deltars(
        wh, retention_hours=1.0, enforce_retention_duration=False,
        dry_run=False,
    )
    assert fake.calls[0][3] is False  # dry_run forwarded
    assert any("deleted 1 files" in line for line in out)


def test_deltars_optimize_compact_and_zorder(tmp_path, monkeypatch):
    import sys

    fake = _FakeDeltaRs()
    monkeypatch.setitem(sys.modules, "deltalake", fake)
    wh, d1, _ = _fake_warehouse(tmp_path)
    M.optimize_all_deltars(wh)
    M.optimize_all_deltars(wh, zorder_by=["id", "ts"])
    assert ("compact", d1, None) in fake.calls
    assert ("z_order", d1, ("id", "ts")) in fake.calls


def test_deltars_rejects_schemed_uris(tmp_path, monkeypatch):
    import sys

    import pytest as _pytest

    monkeypatch.setitem(sys.modules, "deltalake", _FakeDeltaRs())
    with _pytest.raises(ValueError, match="local warehouses only"):
        M.vacuum_all_deltars("s3a://bucket/warehouse")


def test_cli_use_delta_rs_never_starts_spark(tmp_path, monkeypatch):
    """The whole point of the branch: `vacuum --use-delta-rs` must not
    build a SparkSession (reference lakehousekeeper.py:156-165 runs
    JVM-free). get_spark is booby-trapped to prove it."""
    import sys

    fake = _FakeDeltaRs()
    monkeypatch.setitem(sys.modules, "deltalake", fake)

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("--use-delta-rs must not start Spark")

    monkeypatch.setattr(M, "get_spark", boom)
    wh, d1, _ = _fake_warehouse(tmp_path)
    assert M.main(["vacuum", "--warehouse", wh, "--use-delta-rs"]) == 0
    assert fake.calls == [("vacuum", d1, 168, True, True)]
    fake.calls.clear()
    assert M.main(["optimize", "--warehouse", wh, "--use-delta-rs"]) == 0
    assert fake.calls == [("compact", d1, None)]


def test_cli_use_delta_rs_errors_without_package(tmp_path, monkeypatch):
    import pytest as _pytest

    monkeypatch.setattr(M, "deltars_available", lambda: False)
    monkeypatch.setattr(
        M, "get_spark",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("no spark")),
    )
    with _pytest.raises(SystemExit) as ei:
        M.main(["vacuum", "--warehouse", str(tmp_path), "--use-delta-rs"])
    assert ei.value.code == 2  # argparse error, actionable message

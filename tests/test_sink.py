"""KeyedTable sink goldens: upsert/delete/read-back/optimize/vacuum."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from fhir_to_lakehouse_spark.sinks.keyed_table import KeyedTable
from tests.conftest import jobs_in

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("v", T.IntegerType()),
    ]
)


def make(spark, tmp_path):
    return KeyedTable(spark, str(tmp_path / "t.parquet"), key="id")


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_upsert_insert_then_update(spark, tmp_path):
    t = make(spark, tmp_path)
    t.merge_upsert(df(spark, [("a", 1), ("b", 2)]))
    assert t.to_df().count() == 2
    t.merge_upsert(df(spark, [("b", 20), ("c", 3)]))
    out = {r["id"]: r["v"] for r in t.to_df().collect()}
    assert out == {"a": 1, "b": 20, "c": 3}


def test_merge_delete(spark, tmp_path):
    t = make(spark, tmp_path)
    t.merge_upsert(df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    t.merge_delete(df(spark, [("b", 0)]).select("id"))
    assert sorted(r["id"] for r in t.to_df().collect()) == ["a", "c"]


def test_delete_on_missing_table_is_noop(spark, tmp_path):
    t = make(spark, tmp_path)
    t.merge_delete(df(spark, [("x", 0)]).select("id"))
    assert not t.exists()


def test_create_if_not_exists_idempotent(spark, tmp_path):
    t = make(spark, tmp_path)
    t.create_if_not_exists(SCHEMA)
    t.create_if_not_exists(SCHEMA)
    assert t.exists() and t.to_df().count() == 0


def seed_files(spark, tmp_path, n_rows, n_files):
    """A table written straight as ``n_files`` parquet files, the way a
    writer other than KeyedTable (or an older layout) leaves it."""
    t = make(spark, tmp_path)
    df(spark, [(f"{i:05d}", i) for i in range(n_rows)]).repartition(
        n_files
    ).write.parquet(t.path)
    assert t.detail()["numFiles"] == n_files
    return t


def test_optimize_compacts_files(spark, tmp_path):
    t = seed_files(spark, tmp_path, 100, 8)
    t.optimize(target_files=1)
    assert t.to_df().count() == 100
    assert t.detail()["numFiles"] == 1


def test_optimize_on_compact_table_runs_no_job(spark, tmp_path):
    """A table at its file-count target is left alone: the same
    _SUCCESS inode (no swap) and no Spark job."""
    import os

    t = seed_files(spark, tmp_path, 100, 8)
    t.optimize()
    assert t.detail()["numFiles"] == 1
    before = os.stat(os.path.join(t.path, "_SUCCESS"))
    with jobs_in(spark) as jobs:
        t.optimize()
    assert jobs == []
    after = os.stat(os.path.join(t.path, "_SUCCESS"))
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
    assert t.to_df().count() == 100


def test_merge_into_multi_file_table_writes_one_file(spark, tmp_path):
    """A small table's rewrite is one file, whatever its input layout:
    far below spark.sql.files.maxPartitionBytes, ceil(bytes/split)
    is 1."""
    t = seed_files(spark, tmp_path, 200, 8)
    t.merge_upsert(df(spark, [("00001", -1), ("new", 7)]))
    assert t.detail()["numFiles"] == 1
    got = {r["id"]: r["v"] for r in t.to_df().collect()}
    assert len(got) == 201 and got["00001"] == -1 and got["new"] == 7


@pytest.mark.parametrize("open_cost", [None, "1"], ids=["coalesce", "shuffle"])
def test_rewrite_file_count_follows_split_size(spark, tmp_path, open_cost):
    """With a split size below the table's bytes, a rewrite writes
    ceil(table bytes / split) files, each sorted by key: coalesced
    while the table is under spark.sql.files.openCostInBytes, hashed
    by key (``open_cost`` lowered below the table's bytes) above it.
    The source is a Range, whose size statistic makes the anti-join a
    broadcast, so the plan keeps the scan's 8 partitions for the
    coalesce to merge (AQE would first coalesce a shuffled join)."""
    import glob
    import math
    import os

    import pyarrow.parquet as pq

    t = seed_files(spark, tmp_path, 3000, 8)
    size = sum(os.path.getsize(f) for f in glob.glob(f"{t.path}/*.parquet"))
    split = size // 3 + 1
    confs = {"spark.sql.files.maxPartitionBytes": str(split)}
    if open_cost:
        confs["spark.sql.files.openCostInBytes"] = open_cost
    orig = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        t.merge_upsert(spark.range(1).selectExpr("'00007' AS id", "-7 AS v"))
    finally:
        for k, v in orig.items():
            spark.conf.set(k, v)
    files = sorted(glob.glob(f"{t.path}/*.parquet"))
    assert len(files) == math.ceil(size / split) == 3
    for f in files:
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        assert ids and ids == sorted(ids)
    assert t.to_df().count() == 3000


def test_first_write_keeps_source_partitioning(spark, tmp_path):
    """A first write is sized by its batch, not by the empty table it
    replaces: it keeps the source's partitions (each sorted by key),
    so a large first batch is still encoded and written in parallel.
    The next rewrite compacts it."""
    t = make(spark, tmp_path)
    t.create_if_not_exists(SCHEMA)
    t.merge_upsert(df(spark, [(f"{i:05d}", i) for i in range(300)]).repartition(3))
    assert t.detail()["numFiles"] == 3
    t.merge_upsert(df(spark, [("new", 7)]))
    assert t.detail()["numFiles"] == 1
    assert t.to_df().count() == 301


def test_vacuum_noop_without_garbage(spark, tmp_path):
    t = make(spark, tmp_path)
    t.merge_upsert(df(spark, [("a", 1)]))
    t.vacuum(0.0)
    assert t.to_df().count() == 1


def test_duplicate_key_source_rejected(spark, tmp_path):
    """Both backends reject ambiguous merge sources: Delta MERGE errors
    on multiple source matches; the fallback raises up front."""
    import pytest

    from fhir_to_lakehouse_spark.sinks.keyed_table import DuplicateKeySourceError

    t = make(spark, tmp_path)
    t.merge_upsert(df(spark, [("a", 1)]))
    with pytest.raises(DuplicateKeySourceError):
        t.merge_upsert(df(spark, [("a", 2), ("a", 3)]))
    # table untouched by the failed merge
    assert {r["id"]: r["v"] for r in t.to_df().collect()} == {"a": 1}


def test_duplicate_key_probe_can_be_disabled(spark, tmp_path):
    t = KeyedTable(
        spark,
        str(tmp_path / "t.parquet"),
        key="id",
        verify_unique_source=False,
    )
    t.merge_upsert(df(spark, [("a", 2), ("a", 3)]))
    assert t.to_df().count() == 2  # documented: caller owns uniqueness


def test_swap_crash_window_recovers_stranded_table(spark, tmp_path):
    """Simulate a crash between the two swap renames: path missing,
    pre-swap data stranded in .tmp-old-*. exists()/reads must restore
    it instead of treating the table as absent (which would make the
    next merge silently drop all pre-existing rows)."""
    import os

    t = make(spark, tmp_path)
    t.merge_upsert(df(spark, [("a", 1), ("b", 2)]))
    # crash simulation: rename path -> .tmp-old-xyz and stop there
    stranded = f"{t.path}.tmp-old-deadbeef"
    os.rename(t.path, stranded)
    assert not os.path.exists(t.path)
    assert t.exists()  # recovery ran
    assert {r["id"]: r["v"] for r in t.to_df().collect()} == {"a": 1, "b": 2}
    # and a merge after recovery keeps the pre-existing rows
    t.merge_upsert(df(spark, [("c", 3)]))
    assert t.to_df().count() == 3


def test_vacuum_does_not_sweep_stranded_table(spark, tmp_path):
    import os

    t = make(spark, tmp_path)
    t.merge_upsert(df(spark, [("a", 1)]))
    os.rename(t.path, f"{t.path}.tmp-old-cafe0000")
    t.vacuum(0.0)  # must recover, not delete, the stranded copy
    assert t.to_df().count() == 1


def test_failed_swap_in_keeps_old_table(spark, tmp_path, monkeypatch):
    """A merge whose swap-in rename fails renames the old table straight
    back and drops its staged copy: the old table stays at ``path``,
    complete, with no ``.tmp-*`` sibling left behind."""
    import os

    t = make(spark, tmp_path)
    t.merge_upsert(df(spark, [("a", 1)]))
    real_rename = os.rename

    def failing_rename(a, b):
        if ".tmp-" in a and ".tmp-old-" not in a and b == t.path:
            raise OSError("simulated swap-in failure")
        return real_rename(a, b)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated"):
        t.merge_upsert(df(spark, [("a", 2), ("b", 3)]))
    monkeypatch.undo()
    assert os.path.exists(os.path.join(t.path, "_SUCCESS"))
    assert not [d for d in os.listdir(tmp_path) if ".tmp-" in d]
    assert {r["id"]: r["v"] for r in t.to_df().collect()} == {"a": 1}


def test_retry_skips_deterministic_errors(spark, tmp_path):
    """AnalysisException/validation errors must fail fast, not burn the
    5-attempt backoff re-running a deterministic failure."""
    import time as _time

    from fhir_to_lakehouse_spark.sinks.keyed_table import retry

    calls = {"n": 0}

    @retry(attempts=5, base_s=0.2)
    def bad():
        calls["n"] += 1
        raise ValueError("deterministic")

    t0 = _time.monotonic()
    try:
        bad()
    except ValueError:
        pass
    assert calls["n"] == 1
    assert _time.monotonic() - t0 < 0.2


def test_fallback_rejects_remote_scheme(spark):
    """Without Delta, a remote-scheme path must fail construction:
    exists() would be os.path.exists('s3a://...') == False forever, so
    merge_delete would silently no-op and every merge would rewrite an
    'initial' table."""
    import pytest as _pytest

    from fhir_to_lakehouse_spark.session import delta_available
    from fhir_to_lakehouse_spark.sinks.keyed_table import KeyedTable

    if delta_available():
        _pytest.skip("Delta backend handles remote schemes")
    with _pytest.raises(ValueError, match="Delta backend"):
        KeyedTable(spark, "s3a://bucket/Patient.parquet")
    # local URI forms stay accepted (both Hadoop renderings)
    KeyedTable(spark, "file:///tmp/t.parquet")
    KeyedTable(spark, "file:/tmp/t.parquet")


def test_swap_dir_rejects_remote_uri():
    """The copy-on-write swap renames through the local filesystem: a
    remote URI is refused up front, before Spark stages a write in the
    store that no rename could then move or clean up."""
    from fhir_to_lakehouse_spark.sinks.keyed_table import SwapDir

    with pytest.raises(ValueError, match="not a local path"):
        SwapDir("s3a://bucket/views/v")
    assert SwapDir("file:///tmp/v/").os_path == "/tmp/v"
    assert SwapDir("file:/tmp/v").os_path == "/tmp/v"


def test_delta_table_at_remote_uri_has_no_swap_dir(spark, monkeypatch):
    """With the Delta backend a remote table is constructed without the
    fallback's directory, and reports no fallback change log."""
    from fhir_to_lakehouse_spark.sinks import keyed_table

    monkeypatch.setattr(keyed_table, "delta_available", lambda: True)
    monkeypatch.delenv("FORCE_PARQUET_SINK", raising=False)
    t = KeyedTable(spark, "s3a://bucket/Patient.parquet")
    assert t._dir is None
    assert t.changelog_version() == -1


def test_known_empty_fast_path_revalidates_on_disk(spark, tmp_path):
    """The initial-write fast path must not trust the in-memory
    record of the empty table blindly (ADVICE r12): a second writer to the
    same path after our create_if_not_exists would be clobbered by
    the fast-path swap. The _SUCCESS stamp check detects the foreign
    write and falls back to the full anti-join merge."""
    a = make(spark, tmp_path)
    b = KeyedTable(spark, str(tmp_path / "t.parquet"), key="id")
    a.create_if_not_exists(SCHEMA)
    assert a._fresh_empty()
    # a foreign instance lands rows in the same path
    b.merge_upsert(df(spark, [("x", 1)]))
    assert not a._fresh_empty()
    # our merge must now PRESERVE the foreign row, not clobber it
    a.merge_upsert(df(spark, [("y", 2)]))
    got = {(r["id"], r["v"]) for r in a.to_df().collect()}
    assert got == {("x", 1), ("y", 2)}


def test_reads_after_writes_run_no_job(spark, tmp_path):
    """to_df() of the table this instance just wrote passes the schema
    the write recorded: after an optimize, a merge and a delete it runs
    no Spark job (inferring the schema from a file footer is one)."""
    t = make(spark, tmp_path)

    def read_back():
        with jobs_in(spark) as jobs:
            out = t.to_df()
        assert jobs == []
        return {r["id"]: r["v"] for r in out.collect()}

    t.merge_upsert(df(spark, [("a", 1), ("b", 2), ("c", 3)]).repartition(2))
    assert t.detail()["numFiles"] == 2
    t.optimize()
    assert t.detail()["numFiles"] == 1
    assert read_back() == {"a": 1, "b": 2, "c": 3}
    t.merge_upsert(df(spark, [("b", 20), ("d", 4)]))
    assert read_back() == {"a": 1, "b": 20, "c": 3, "d": 4}
    t.merge_delete(df(spark, [("a", 0)]).select("id"))
    assert read_back() == {"b": 20, "c": 3, "d": 4}


@pytest.mark.parametrize("extensions", [False, True], ids=["plain", "extensions"])
@pytest.mark.parametrize(
    "resource_type", ["Patient", "Observation", "Condition", "Encounter"]
)
def test_recorded_schema_is_the_inferred_one(
    spark, tmp_path, resource_type, extensions
):
    """The schema a write records is exactly what Spark infers from the
    files it wrote, for the curated encodings the pipeline stores:
    after create, first write, optimize, merge and delete."""
    from fhir_to_lakehouse_spark.operators.bundles import encode_resources

    def encoded(ids, parts=1):
        rows = [
            (
                json.dumps(
                    {
                        "resourceType": resource_type,
                        "id": i,
                        "extension": [{"url": "http://x", "valueString": i}],
                    }
                ),
            )
            for i in ids
        ]
        return encode_resources(
            spark.createDataFrame(rows, "resource string").repartition(parts),
            resource_type,
            include_extensions=extensions,
        )

    t = make(spark, tmp_path)

    def check():
        assert t._dir.recorded is not None
        assert t._dir.recorded[1] == spark.read.parquet(t.path).schema

    t.create_if_not_exists(encoded([]).schema)
    check()
    t.merge_upsert(encoded(["a", "b", "c"], parts=2))
    check()
    assert t.detail()["numFiles"] == 2
    t.optimize()
    assert t.detail()["numFiles"] == 1
    check()
    t.merge_upsert(encoded(["b", "d"]))
    check()
    t.merge_delete(spark.createDataFrame([("a",)], "id string"))
    check()
    assert sorted(r["id"] for r in t.to_df().collect()) == ["b", "c", "d"]


def test_table_replaced_by_another_writer_is_read_with_its_schema(
    spark, tmp_path
):
    """A second instance's merge replaces the table with a wider one:
    the first instance sees a new stamp and infers the new schema
    instead of reading with the one it recorded."""
    a = make(spark, tmp_path)
    a.merge_upsert(df(spark, [("a", 1)]))
    assert a.to_df().columns == ["id", "v"]
    b = KeyedTable(spark, a.path, key="id")
    b.merge_upsert(
        spark.createDataFrame([("b", 2, "x")], "id string, v int, extra string")
    )
    got = a.to_df()
    assert got.columns == ["id", "v", "extra"]
    assert {tuple(r) for r in got.collect()} == {("a", 1, None), ("b", 2, "x")}

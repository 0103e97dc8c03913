"""Out-of-band table maintenance — lakehousekeeper CLI parity.

Reference: /root/reference/src/lakehousekeeper.py (295 LoC): a click
CLI with vacuum / optimize / register subcommands that discovers every
table under a warehouse prefix and maintains each one.

Differences, Spark-first:
- table discovery walks the warehouse directory (local/posix paths)
  or lists via the Hadoop FileSystem API for scheme'd URIs
  (s3a://, hdfs://, file://) — the Spark-side twin of the reference's
  boto3 common-prefix listing (:59-98), using the same fs.s3a.*
  session configs the write path uses (no second credential system);
- maintenance itself goes through KeyedTable (Delta ops when the jars
  exist, parquet fallback otherwise), mirroring the reference's dual
  delta-rs / Spark-SQL paths (:156-182, :232-240);
- register issues the same DDL shape as the reference
  (:280-291) against whatever catalog the session has.

Usage:
    python -m fhir_to_lakehouse_spark.maintenance vacuum  --warehouse DIR \
        [--retention-hours H] [--no-dry-run] [--no-enforce-retention-duration]
    python -m fhir_to_lakehouse_spark.maintenance optimize --warehouse DIR
    python -m fhir_to_lakehouse_spark.maintenance register --warehouse DIR --schema fhir

Vacuum is safe-by-default like the reference CLI: dry-run unless
``--no-dry-run``, retention defaults to the 1-week floor, and a smaller
retention is rejected unless ``--no-enforce-retention-duration``.
"""

from __future__ import annotations

import argparse
import os
import re

from pyspark.sql import SparkSession

from fhir_to_lakehouse_spark.session import delta_available, get_spark
from fhir_to_lakehouse_spark.sinks.keyed_table import (
    RETENTION_FLOOR_HOURS,
    KeyedTable,
    SwapDir,
    check_retention,
    is_remote,
)


def discover_tables(
    warehouse_dir: str, spark: SparkSession | None = None
) -> list[str]:
    """List table paths under the warehouse prefix (reference
    list_tables, /root/reference/src/lakehousekeeper.py:59-98: common
    prefixes ending in .parquet).

    Plain local paths use a directory listing. Any URI with a scheme
    (``s3a://bucket/prefix``, ``hdfs://...``, ``file:///...``) goes
    through the Hadoop FileSystem API of the session JVM — the engine
    twin of the reference's boto3 common-prefix listing, working
    against whatever object store the session's ``fs.*`` configs wire
    up (S9). Requires ``spark`` for the JVM gateway."""
    # scheme detection must accept Hadoop's single-slash local URI form
    # ("file:/p" — Path.toString() renders it that way), not just
    # "scheme://": a warehouse_dir copied from Hadoop output would
    # otherwise fall into os.path.isdir("file:/p") == False and silently
    # maintain nothing.
    if not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:/", warehouse_dir):
        if not os.path.isdir(warehouse_dir):
            return []
        return sorted(
            os.path.join(warehouse_dir, d)
            for d in os.listdir(warehouse_dir)
            if d.endswith(".parquet")
            and os.path.isdir(os.path.join(warehouse_dir, d))
            and ".tmp-" not in d
        )
    if spark is None:
        raise ValueError(
            "discover_tables needs the SparkSession for scheme'd URIs "
            "(Hadoop FileSystem listing runs in the session JVM)"
        )
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(warehouse_dir)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    for status in fs.listStatus(hpath):
        p = status.getPath()
        name = p.getName()
        if status.isDirectory() and name.endswith(".parquet") and ".tmp-" not in name:
            out.append(p.toString())
    return sorted(out)


def deltars_available() -> bool:
    """True when the Rust ``deltalake`` package (delta-rs) is
    importable — the reference's no-JVM maintenance dependency
    (/root/reference/src/lakehousekeeper.py:156-165). Not shipped in
    every environment; the Spark/KeyedTable path is the fallback."""
    try:
        import deltalake  # noqa: F401
    except ImportError:
        return False
    return True


def _deltars_tables(warehouse_dir: str) -> list[tuple[str, bool]]:
    """Table discovery for the no-JVM path: (path, is_delta) per table
    directory. Runs WITHOUT a SparkSession, so only plain local paths
    are walked here; delta-rs itself accepts object-store URIs, but
    listing a scheme'd warehouse without the session JVM needs the
    store's own SDK — out of scope for this branch (point it at one
    table, or use the Spark path). ``is_delta`` is the ``_delta_log``
    probe: parquet-fallback tables have no Delta log and delta-rs
    cannot maintain them — they are reported, never silently skipped
    or corrupted."""
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:/", warehouse_dir):
        raise ValueError(
            "the delta-rs maintenance path lists local warehouses only; "
            "for object-store URIs use the Spark path (or pass a single "
            "table path directly)"
        )
    return [
        (p, os.path.isdir(os.path.join(p, "_delta_log")))
        for p in discover_tables(warehouse_dir)
    ]


def vacuum_all_deltars(
    warehouse_dir: str,
    retention_hours: float | None = None,
    dry_run: bool = True,
    enforce_retention_duration: bool = True,
) -> list[str]:
    """VACUUM every Delta table via delta-rs — NO SparkSession, no JVM
    startup: the reference's out-of-band maintenance shape
    (/root/reference/src/lakehousekeeper.py:156-165 vacuums with the
    Rust ``deltalake`` lib precisely so a cron job doesn't pay Spark
    boot for a metadata-sized operation). Same safety defaults as
    ``vacuum_all``: dry-run unless opted out, 1-week retention floor
    enforced unless opted out (delta-rs re-checks the floor against
    the table's own ``deletedFileRetentionDuration`` too)."""
    import deltalake

    if retention_hours is None:
        retention_hours = RETENTION_FLOOR_HOURS
    check_retention(retention_hours, enforce_retention_duration)
    out = []
    for path, is_delta in _deltars_tables(warehouse_dir):
        if not is_delta:
            out.append(f"{path}: SKIPPED (no _delta_log; parquet fallback "
                       "tables need the Spark path)")
            continue
        dt = deltalake.DeltaTable(path)
        removed = dt.vacuum(
            retention_hours=int(retention_hours),
            dry_run=dry_run,
            enforce_retention_duration=enforce_retention_duration,
        )
        verb = "would delete" if dry_run else "deleted"
        out.append(f"{path}: {verb} {len(removed)} files")
    return out


def optimize_all_deltars(
    warehouse_dir: str,
    target_size: int | None = None,
    zorder_by: list[str] | None = None,
) -> list[str]:
    """Compaction via delta-rs (reference lakehousekeeper.py:232-235
    runs ``optimize.compact()`` the same way) — bin-packs small files
    up to ``target_size`` (delta-rs default 256 MiB) without a JVM.
    ``zorder_by`` switches to ``optimize.z_order`` on those columns."""
    import deltalake

    out = []
    for path, is_delta in _deltars_tables(warehouse_dir):
        if not is_delta:
            out.append(f"{path}: SKIPPED (no _delta_log; parquet fallback "
                       "tables need the Spark path)")
            continue
        dt = deltalake.DeltaTable(path)
        if zorder_by:
            metrics = dt.optimize.z_order(
                zorder_by, target_size=target_size
            )
        else:
            metrics = dt.optimize.compact(target_size=target_size)
        out.append(f"{path}: {metrics}")
    return out


def vacuum_all(
    spark: SparkSession,
    warehouse_dir: str,
    retention_hours: float | None = None,
    dry_run: bool = True,
    enforce_retention_duration: bool = True,
) -> list[str]:
    """VACUUM every table (reference :134-182 incl. dry-run support and
    the retention-duration guard). ``retention_hours=None`` falls back
    to the 1-week default, like the reference's
    ``deletedFileRetentionDuration`` behavior.

    Safe-by-default like the CLI (dry_run=True, floor enforced): a
    library caller must opt in to deletion, and the retention floor is
    validated even in dry-run mode — the reference enforces
    retentionDurationCheck during dry-run too, so ``vacuum
    --retention-hours 1`` fails identically with and without
    ``--no-dry-run`` instead of passing silently and then raising."""
    if retention_hours is None:
        retention_hours = RETENTION_FLOOR_HOURS
    check_retention(retention_hours, enforce_retention_duration)
    done = []
    for path in discover_tables(warehouse_dir, spark):
        if not dry_run:  # the floor was checked above
            KeyedTable(spark, path).vacuum(retention_hours)
        done.append(path)
    return done


def optimize_all(
    spark: SparkSession,
    warehouse_dir: str,
    zorder_by: list[str] | None = None,
) -> list[str]:
    """OPTIMIZE (compaction) every table (reference :238-240);
    ``zorder_by`` adds the OPTIMIZE ZORDER BY layout change (tables
    missing any requested column fall back to plain compaction)."""
    done = []
    for path in discover_tables(warehouse_dir, spark):
        t = KeyedTable(spark, path)
        cols = set(t.to_df().columns) if zorder_by else set()
        if zorder_by and set(zorder_by) <= cols:
            t.optimize(zorder_by=zorder_by)
        else:
            t.optimize()
        done.append(path)
    return done


def migrate_references_all(
    spark: SparkSession,
    warehouse_dir: str,
    to: str = "verbatim",
) -> list[str]:
    """One-off table-format migration between the two reference-string
    conventions (ADVICE r6 / VERDICT r6 item 4):

    - tables written before the storage-parity change hold NORMALIZED
      references (bare target id in ``reference``, stripped type in
      ``type``);
    - the current default stores the document's reference strings
      VERBATIM (Pathling storage parity), resolving at query time via
      ``operators.bundles.resolve_references``.

    Rather than string-surgery on the struct columns (which cannot
    distinguish a bare id that came from ``urn:uuid:X`` from one that
    came from ``Type/X``), the migration RE-ENCODES each row from the
    losslessly-stored ``resource_json`` column under the requested
    convention — exact by construction in both directions, for every
    curated type and for raw-fallback tables alike. Tables without a
    ``resource_json`` column (non-encoder tables) are skipped.

    ``to="verbatim"`` (default) moves old tables to the new default;
    ``to="normalized"`` is the inverse for deployments that opt into
    ``normalize_references_at_write``. The rewrite is a copy-on-write
    swap (readers never see a partial table) and happens OUTSIDE the
    changelog: it is a format migration, not a data change — pin or
    re-seed incremental consumers across it.

    At scale this is one read + one write per table: ``from_json`` is
    a per-row projection that runs with the scan's parallelism. The
    write is sized like every keyed-table rewrite
    (``KeyedTable._swap_write``): a table above
    ``spark.sql.files.openCostInBytes`` is hashed by key into its
    target file count, one shuffle after the projection; a smaller
    one is coalesced."""
    import pyspark.sql.functions as F

    from fhir_to_lakehouse_spark.operators.bundles import encode_resources

    if to not in ("verbatim", "normalized"):
        raise ValueError(f"to must be 'verbatim' or 'normalized', got {to!r}")
    done = []
    for path in discover_tables(warehouse_dir, spark):
        rtype = os.path.basename(path).removesuffix(".parquet")
        t = KeyedTable(spark, path)
        df = t.to_df()
        if "resource_json" not in df.columns:
            continue
        migrated = encode_resources(
            df.select(F.col("resource_json").alias("resource")),
            rtype,
            normalize_refs=(to == "normalized"),
        )
        t._swap_write(migrated)
        done.append(path)
    return done


def restore_table(
    spark: SparkSession, table_path: str, version: int
) -> None:
    """RESTORE one table to a changelog version (new commit, history
    preserved — sinks/keyed_table.py::restore_to)."""
    KeyedTable(spark, table_path, changelog=True).restore_to(version)


def register_all(
    spark: SparkSession, warehouse_dir: str, schema: str = "fhir"
) -> list[str]:
    """Register every table in the session catalog (reference
    :280-291: CREATE SCHEMA + CREATE TABLE ... LOCATION). Uses
    USING DELTA when Delta is present, parquet otherwise."""
    fmt = "DELTA" if delta_available() else "PARQUET"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
    done = []
    for path in discover_tables(warehouse_dir, spark):
        name = os.path.basename(path).removesuffix(".parquet")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {schema}.`{name}` "
            f"USING {fmt} LOCATION '{path}'"
        )
        done.append(f"{schema}.{name}")
    return done


def create_views(
    spark: SparkSession,
    warehouse_dir: str,
    viewdef_paths: list[str],
    materialize_dir: str | None = None,
) -> list[str]:
    """Compile SQL-on-FHIR ViewDefinition JSON files into views over
    the stored resource tables.

    Each file holds one ViewDefinition (operators/view_definition.py
    subset); its ``resource`` picks the warehouse table (the pipeline
    stores one table per resource type), its ``name`` (default
    ``<resource>_view``) names the result. Default registers a
    session temp view — the compiled plan stays lazy, so queries
    against the view still get filter pushdown into the underlying
    scan. ``materialize_dir`` instead writes each view out as parquet
    (the scheduled-refresh flat-view handoff shape: analysts read the
    flat table, never the resource encoding), published by the keyed
    table's copy-on-write swap so a reader never sees a partial view.
    The swap renames through the local filesystem: a remote
    ``materialize_dir`` (``s3a://``) is overwritten in place instead."""
    import json as _json

    from fhir_to_lakehouse_spark.operators.view_definition import compile_view

    by_name = {
        os.path.basename(p).removesuffix(".parquet"): p
        for p in discover_tables(warehouse_dir, spark)
    }
    out = []
    for vp in viewdef_paths:
        with open(vp) as f:
            vd = _json.load(f)
        rtype = vd.get("resource")
        table = by_name.get(rtype)
        if table is None:
            raise FileNotFoundError(
                f"{vp}: no stored table for resource {rtype!r} under "
                f"{warehouse_dir} (have: {sorted(by_name)})"
            )
        df = compile_view(vd, KeyedTable(spark, table).to_df())
        name = vd.get("name") or f"{rtype.lower()}_view"
        if materialize_dir is not None:
            dest = os.path.join(materialize_dir, name)
            if is_remote(dest):
                df.write.mode("overwrite").parquet(dest)
            else:
                SwapDir(dest).publish(df)
            out.append(f"{name} -> {dest}")
        else:
            df.createOrReplaceTempView(name)
            out.append(f"{name} (temp view)")
    return out


def refresh_view(
    spark: SparkSession,
    table_path: str,
    viewdef_path: str,
    dest: str,
    key: str = "id",
) -> str:
    """Incrementally refresh a materialized flat view from its source
    table's change feed (operators/materialized_view.py). First call
    builds the view in full; later calls recompile only the resources
    whose rows changed since the last refresh. Scheduled alongside
    OPTIMIZE/VACUUM, this is the analyst-facing flat-table cadence."""
    import json as _json

    from fhir_to_lakehouse_spark.operators.materialized_view import (
        MaterializedFlatView,
    )

    with open(viewdef_path) as f:
        vd = _json.load(f)
    src = KeyedTable(spark, table_path, key=key, changelog=True)
    mv = MaterializedFlatView(vd, src, dest)
    stats = mv.refresh()
    name = vd.get("name") or os.path.basename(dest)
    return (
        f"{name}: {stats['mode']} "
        f"(versions {stats['from_version']}..{stats['to_version']}, "
        f"resources {stats['resources']})"
    )


def export_bulk(
    spark: SparkSession,
    warehouse_dir: str,
    out_dir: str,
    types: list[str] | None = None,
    files_per_type: int | None = 1,
    since_version: int | None = None,
    at_version: int | None = None,
) -> list[str]:
    """Bulk Data $export of the warehouse: every stored resource table
    (or just ``types``) written as flat per-type NDJSON under
    ``out_dir/<Type>`` — the lossless ``resource_json`` lines, so the
    export round-trips byte-identically through
    sources/bulk_export.read_bulk_export. ``files_per_type=None``
    keeps full write parallelism for big tables."""
    from fhir_to_lakehouse_spark.sources.bulk_export import write_bulk_export

    out = []
    for path in discover_tables(warehouse_dir, spark):
        name = os.path.basename(path).removesuffix(".parquet")
        if types and name not in types:
            continue
        df = _export_frame(spark, path, since_version, out, name, at_version)
        if df is None:
            continue
        if "resource_json" not in df.columns:
            out.append(f"{name}: SKIPPED (no resource_json column)")
            continue
        dest = os.path.join(out_dir, name)
        write_bulk_export(df, dest, coalesce_files=files_per_type)
        out.append(f"{name} -> {dest}")
    return out


def _export_frame(spark, path, since_version, out, name, at_version=None):
    """Full table scan; `--since-version N` = the changed rows only
    (Bulk Data `_since` semantics: latest post-image of every key
    whose most recent change is in [N, head] and is not a delete),
    read off the pruned change-feed partitions; `--at-version V` = the
    table state AS OF change version V (snapshot export for a
    reproducible handoff). Both need the change feed — tables written
    without one are reported, not silently exported in full."""
    if since_version is not None and at_version is not None:
        raise ValueError("pass either since_version or at_version, not both")
    if since_version is None and at_version is None:
        return KeyedTable(spark, path).to_df()
    flag = "--since-version" if since_version is not None else "--at-version"
    tbl = KeyedTable(spark, path, changelog=True)
    if tbl.changelog_version() < 0:
        out.append(f"{name}: SKIPPED (no changelog for {flag})")
        return None
    if since_version is not None:
        return tbl.upserted_since(since_version)
    return tbl.as_of(at_version)


def export_everything(
    spark: SparkSession,
    warehouse_dir: str,
    out_dir: str,
    patients: list[str] | None = None,
    group: str | None = None,
    criteria_path: str | None = None,
    types: list[str] | None = None,
    files_per_type: int | None = 1,
    since_version: int | None = None,
) -> list[str]:
    """Patient/$everything (Bulk Data patient-level export) from the
    warehouse: each stored resource table's patient-compartment slice
    — optionally restricted to a ``patients`` cohort — written as
    per-type NDJSON under ``out_dir/<Type>``. Each table is scanned
    ONCE regardless of cohort size; the cohort rides a broadcast
    semi-join (operators/compartment.py). A resource sitting in two
    compartments exports once per patient only in the row-level frame;
    the NDJSON line set is deduplicated back to one line per
    resource. ``group`` names a stored Group resource whose active
    patient members define the cohort instead (Bulk Data group-level
    export, ``Group/<id>/$export``) — mutually exclusive with
    ``patients``."""
    from fhir_to_lakehouse_spark.operators.compartment import (
        compartment_members,
        group_patient_ids,
    )
    from fhir_to_lakehouse_spark.sources.bulk_export import write_bulk_export

    if sum(x is not None for x in (patients, group, criteria_path)) > 1:
        raise ValueError(
            "pass at most one of patients, group, criteria (not both)"
        )
    cohort: list[str] | None | object = patients
    if group is not None:
        gpath = os.path.join(warehouse_dir, "Group.parquet")
        cohort = group_patient_ids(KeyedTable(spark, gpath).to_df(), group)
    if criteria_path is not None:
        import json as _json

        from fhir_to_lakehouse_spark.operators.cohort import build_cohort

        with open(criteria_path) as f:
            cspec = _json.load(f)
        needed = {c["resource"] for c in cspec["criteria"]}
        ctables = {
            rt: KeyedTable(
                spark, os.path.join(warehouse_dir, f"{rt}.parquet")
            ).to_df()
            for rt in needed
        }
        cohort = build_cohort(
            cspec["criteria"], ctables, combine=cspec.get("combine", "and")
        )
    out = []
    for path in discover_tables(warehouse_dir, spark):
        name = os.path.basename(path).removesuffix(".parquet")
        if types and name not in types:
            continue
        df = _export_frame(spark, path, since_version, out, name)
        if df is None:
            continue
        if "resource_json" not in df.columns:
            out.append(f"{name}: SKIPPED (no resource_json column)")
            continue
        members = compartment_members(df, name, patient_ids=cohort)
        lines = members.select("rid", "resource_json").distinct().select(
            "resource_json"
        )
        dest = os.path.join(out_dir, name)
        write_bulk_export(lines, dest, coalesce_files=files_per_type)
        out.append(f"{name} -> {dest}")
    return out


def validate_tables(
    spark: SparkSession,
    warehouse_dir: str,
    spec_paths: list[str],
    valuesets_table: str | None = None,
) -> list[str]:
    """Run profile-validation specs (operators/validation.py JSON
    files, one per resource type) against the stored tables: one
    summary line per rule. ``valuesets_table`` names a stored table
    of encoded ValueSet/CodeSystem rows when any spec uses a
    `binding` rule — expanded once and shared across specs."""
    import json as _json

    from fhir_to_lakehouse_spark.operators.validation import (
        validation_summary,
    )

    expansion = None
    if valuesets_table is not None:
        from fhir_to_lakehouse_spark.functions.terminology import (
            expand_valueset,
        )

        vs = KeyedTable(spark, valuesets_table).to_df()
        expansion = expand_valueset(vs)
    out = []
    for sp in spec_paths:
        with open(sp) as f:
            spec = _json.load(f)
        rtype = spec["resource"]
        tpath = os.path.join(warehouse_dir, f"{rtype}.parquet")
        if not os.path.isdir(tpath):
            out.append(f"{rtype}: SKIPPED (no stored table)")
            continue
        df = KeyedTable(spark, tpath).to_df()
        for r in validation_summary(spec, df, valuesets=expansion).collect():
            out.append(
                f"{rtype}.{r['rule']}: {r['violations']} violations / "
                f"{r['checked']} checked"
            )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="lakehousekeeper")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd in (
        "vacuum",
        "optimize",
        "register",
        "restore",
        "migrate-references",
        "create-view",
        "export",
        "everything",
        "validate",
        "refresh-view",
    ):
        p = sub.add_parser(cmd)
        if cmd == "refresh-view":
            p.add_argument("--table", required=True)
            p.add_argument("--viewdef", required=True)
            p.add_argument("--dest", required=True)
            p.add_argument("--key", default="id")
            continue
        if cmd == "validate":
            p.add_argument("--warehouse", required=True)
            p.add_argument(
                "--spec",
                action="append",
                required=True,
                help="validation spec JSON file (repeatable)",
            )
            p.add_argument(
                "--valuesets-table",
                default=None,
                help="stored table of encoded ValueSet rows for "
                "binding rules",
            )
            continue
        if cmd in ("export", "everything"):
            p.add_argument("--warehouse", required=True)
            p.add_argument("--out", required=True)
            p.add_argument(
                "--type",
                action="append",
                default=None,
                help="limit to these resource types (repeatable)",
            )
            p.add_argument(
                "--files-per-type",
                type=int,
                default=1,
                help="coalesce each type to N files (0 = keep full "
                "write parallelism)",
            )
            p.add_argument(
                "--since-version",
                type=int,
                default=None,
                help="incremental export: only resources changed at "
                "or after this change-feed version (needs changelog-"
                "enabled tables)",
            )
            if cmd == "export":
                p.add_argument(
                    "--at-version",
                    type=int,
                    default=None,
                    help="snapshot export: the table state AS OF this "
                    "change-feed version (needs changelog-enabled "
                    "tables; mutually exclusive with --since-version)",
                )
            if cmd == "everything":
                p.add_argument(
                    "--patient",
                    action="append",
                    default=None,
                    help="restrict to these patient ids (repeatable; "
                    "omit for every compartment)",
                )
                p.add_argument(
                    "--group",
                    default=None,
                    help="take the cohort from this stored Group "
                    "resource's active members instead",
                )
                p.add_argument(
                    "--criteria",
                    default=None,
                    help="cohort-criteria JSON evaluated against the "
                    "stored tables (operators/cohort.py spec)",
                )
            continue
        if cmd == "create-view":
            p.add_argument("--warehouse", required=True)
            p.add_argument(
                "--viewdef",
                action="append",
                required=True,
                help="ViewDefinition JSON file (repeatable)",
            )
            p.add_argument(
                "--materialize",
                default=None,
                help="write flat parquet views under this dir instead "
                "of registering temp views",
            )
            continue
        if cmd == "restore":
            p.add_argument("--table", required=True)
            p.add_argument("--version", type=int, required=True)
        else:
            p.add_argument("--warehouse", required=True)
        if cmd == "migrate-references":
            p.add_argument(
                "--to",
                choices=("verbatim", "normalized"),
                default="verbatim",
                help="target reference-string convention",
            )
        if cmd == "optimize":
            p.add_argument(
                "--zorder-by",
                default=None,
                help="comma-separated numeric columns to Z-order by",
            )
        if cmd in ("vacuum", "optimize"):
            # reference parity (lakehousekeeper.py:156-165,232-235):
            # maintenance through the Rust deltalake lib, NO Spark
            # session / JVM startup — the out-of-band cron shape
            p.add_argument(
                "--use-delta-rs",
                action="store_true",
                help="maintain via the deltalake (delta-rs) package "
                "without starting a SparkSession (requires the "
                "package and real Delta tables)",
            )
        if cmd == "vacuum":
            # reference CLI defaults (lakehousekeeper.py:106-133):
            # retention None -> 1-week default, DRY-RUN by default
            # (deleting is the opt-in), retention floor enforced by
            # default
            p.add_argument("--retention-hours", type=float, default=None)
            p.add_argument(
                "--dry-run",
                action=argparse.BooleanOptionalAction,
                default=True,
            )
            p.add_argument(
                "--enforce-retention-duration",
                action=argparse.BooleanOptionalAction,
                default=True,
            )
        if cmd == "register":
            p.add_argument("--schema", default="fhir")
            # reference register takes the metastore URI directly
            # (lakehousekeeper.py:243-257: spark.hive.metastore.uris)
            p.add_argument("--hive-metastore", default=None)
    args = ap.parse_args(argv)

    # the no-JVM branch never builds a SparkSession — that IS the
    # feature (reference parity: metadata-sized maintenance shouldn't
    # pay Spark boot)
    if getattr(args, "use_delta_rs", False):
        if not deltars_available():
            ap.error(
                "--use-delta-rs needs the 'deltalake' package "
                "(pip install deltalake); falling back is deliberate "
                "NOT done — drop the flag to use the Spark path"
            )
        if args.cmd == "vacuum":
            out = vacuum_all_deltars(
                args.warehouse,
                args.retention_hours,
                args.dry_run,
                args.enforce_retention_duration,
            )
        else:
            zcols = (
                [c.strip() for c in args.zorder_by.split(",") if c.strip()]
                if args.zorder_by
                else None
            )
            out = optimize_all_deltars(args.warehouse, zorder_by=zcols)
        for line in out:
            print(line)
        return 0

    extra = None
    if getattr(args, "hive_metastore", None):
        extra = {
            "spark.hive.metastore.uris": args.hive_metastore,
            "spark.sql.catalogImplementation": "hive",
        }
    spark = get_spark("lakehousekeeper", extra_conf=extra)
    if args.cmd == "vacuum":
        out = vacuum_all(
            spark,
            args.warehouse,
            args.retention_hours,
            args.dry_run,
            args.enforce_retention_duration,
        )
    elif args.cmd == "optimize":
        zcols = (
            [c.strip() for c in args.zorder_by.split(",") if c.strip()]
            if args.zorder_by
            else None
        )
        out = optimize_all(spark, args.warehouse, zorder_by=zcols)
    elif args.cmd == "restore":
        restore_table(spark, args.table, args.version)
        out = [f"{args.table} restored to v{args.version}"]
    elif args.cmd == "migrate-references":
        out = migrate_references_all(spark, args.warehouse, to=args.to)
    elif args.cmd == "create-view":
        out = create_views(
            spark, args.warehouse, args.viewdef, args.materialize
        )
    elif args.cmd == "refresh-view":
        out = [
            refresh_view(
                spark, args.table, args.viewdef, args.dest, key=args.key
            )
        ]
    elif args.cmd == "export":
        out = export_bulk(
            spark,
            args.warehouse,
            args.out,
            types=args.type,
            files_per_type=args.files_per_type or None,
            since_version=args.since_version,
            at_version=args.at_version,
        )
    elif args.cmd == "validate":
        out = validate_tables(
            spark,
            args.warehouse,
            args.spec,
            valuesets_table=args.valuesets_table,
        )
    elif args.cmd == "everything":
        out = export_everything(
            spark,
            args.warehouse,
            args.out,
            patients=args.patient,
            group=args.group,
            criteria_path=args.criteria,
            types=args.type,
            files_per_type=args.files_per_type or None,
            since_version=args.since_version,
        )
    else:
        out = register_all(spark, args.warehouse, args.schema)
    for line in out:
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
